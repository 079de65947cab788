"""The training-data pipeline end to end, runnable: curate -> split ->
budget -> pack-plan -> partitioned parquet + manifest.

sync.py is the reference's job made runnable; this is its north-star twin
for corpus preparation. Every stage is one of the declared, oracle-verified
operators, chained declaratively so Catalyst fuses the flags into a couple
of shuffles:

  1. curation funnel   — exact dedup, fingerprint near-dup, quality gate
                         (operators/curation.curate: cumulative keep flags),
                         plus an optional passage-boilerplate gate
                         (--passage-dup-max: drop documents whose
                         q_passage_dedup dup_ratio exceeds the threshold)
  2. reproducible split — md5-keyed train/val/test assignment
                         (operators/profiling.split_assign; shuffle-free,
                         append-stable)
  3. token budget      — optional per-language admission cap on the train
                         split (the q_token_budget_sample running sum)
  4. pack plan         — per (split, lang) sequence-packing summary
                         (q_sequence_pack arithmetic: sequences, boundary
                         docs, final fill)
  5. sink              — curated parquet partitioned by split (partition
                         pruning for downstream readers), plus a JSON
                         manifest with per-stage survivor counts — the
                         ledger a curator actually reviews.

Usage:
  python -m mysql_to_clickhouse_sync_spark.curate \
      --src /root/testdata/sf0.001 --out /tmp/curated [--budget 100000]
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.durable import replace_file
from mysql_to_clickhouse_sync_spark.operators.curation import curate as _flags
from mysql_to_clickhouse_sync_spark.operators.dedup import passage_report
from mysql_to_clickhouse_sync_spark.operators.profiling import split_assign
from mysql_to_clickhouse_sync_spark.operators.text import token_count

SEQ_LEN = 512


def curated_documents(
    docs: DataFrame,
    budget_per_lang: int | None = None,
    passage_dup_max: float | None = None,
) -> DataFrame:
    """documents + curation flags -> kept rows with split + token count.
    passage_dup_max (if set) additionally drops boilerplate-heavy
    documents whose passage-level duplicate ratio (q_passage_dedup's
    dup_ratio, computed over the post-quality survivors) exceeds the
    threshold. Budget (if set) caps train-split tokens per language by
    the deterministic (n_chars desc, doc_id) admission order."""
    flags = _flags(docs).select("doc_id", "quality_kept")
    kept = (
        docs.join(flags, "doc_id")
        .filter(F.col("quality_kept"))
        .drop("quality_kept")
    )
    if passage_dup_max is not None:
        ratios = passage_report(kept).select("doc_id", "dup_ratio")
        kept = (
            kept.join(ratios, "doc_id")
            .filter(F.col("dup_ratio") <= passage_dup_max)
            .drop("dup_ratio")
        )
    kept = (
        kept.withColumn("split", split_assign(F.col("doc_id")))
        .withColumn("tok", token_count(F.col("text")))
    )
    if budget_per_lang is None:
        return kept
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budgeted = kept.withColumn(
        "_cum", F.sum(F.when(F.col("split") == "train", F.col("tok"))).over(w)
    )
    return budgeted.filter(
        (F.col("split") != "train") | (F.col("_cum") <= budget_per_lang)
    ).drop("_cum")


def pack_plan(kept: DataFrame, seq_len: int = SEQ_LEN) -> DataFrame:
    """Per (split, lang) concat-and-chunk plan: sequence count + final
    fill (q_sequence_pack arithmetic over the curated token totals)."""
    g = kept.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("tok").cast("bigint").alias("total_tokens"),
    )
    n_seqs = F.expr(f"(total_tokens + {seq_len - 1}) div {seq_len}")
    return g.select(
        "split",
        "lang",
        "n_docs",
        "total_tokens",
        n_seqs.cast("bigint").alias("n_seqs"),
    )


def run(
    spark: SparkSession,
    src: str,
    out: str,
    budget_per_lang: int | None = None,
    passage_dup_max: float | None = None,
) -> dict:
    t0 = time.time()
    docs = load_table(spark, src, "documents")
    n_raw = docs.count()
    kept = curated_documents(
        docs, budget_per_lang, passage_dup_max
    ).localCheckpoint(eager=True)
    n_kept = kept.count()

    corpus_dir = os.path.join(out, "corpus")
    kept.write.mode("overwrite").partitionBy("split").parquet(corpus_dir)

    plan = pack_plan(kept)
    plan_rows = [r.asDict() for r in plan.collect()]
    # Achieved domain mixture over the curated corpus — the report a
    # data-mixing run is judged by (q_domain_mixture's fill view, here
    # descriptive: per-source share of kept chars in basis points).
    mixture_rows = [
        r.asDict()
        for r in (
            kept.groupBy("source")
            .agg(F.sum("n_chars").cast("bigint").alias("chars_kept"))
            .crossJoin(
                F.broadcast(
                    kept.agg(F.sum("n_chars").cast("bigint").alias("_t"))
                )
            )
            .select(
                "source",
                "chars_kept",
                F.expr("CAST(chars_kept * 10000 div _t AS BIGINT)").alias(
                    "share_bp"
                ),
            )
            .orderBy("source")
            .collect()
        )
    ]
    manifest = {
        "source": src,
        "n_raw": n_raw,
        "n_kept": n_kept,
        "budget_per_lang": budget_per_lang,
        "passage_dup_max": passage_dup_max,
        "seq_len": SEQ_LEN,
        "pack_plan": plan_rows,
        "mixture": mixture_rows,
        "elapsed_sec": round(time.time() - t0, 2),
    }
    os.makedirs(out, exist_ok=True)
    replace_file(
        os.path.join(out, "manifest.json"),
        json.dumps(manifest, indent=2, default=str),
    )
    return manifest


def main() -> None:
    from mysql_to_clickhouse_sync_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--budget", type=int, default=None)
    ap.add_argument(
        "--passage-dup-max",
        type=float,
        default=None,
        help="drop documents whose passage-duplicate ratio exceeds this",
    )
    args = ap.parse_args()
    manifest = run(
        get_spark("curate"),
        args.src,
        args.out,
        args.budget,
        args.passage_dup_max,
    )
    print(json.dumps(manifest, default=str))


if __name__ == "__main__":
    main()
