"""ONLINE benchmark decontamination — the streaming half of
q_decontaminate, gated by the Bloom filter its module docstring names as
the 100 TB plan (operators/quality.py).

An ingest pipeline cannot re-run corpus-wide decontamination per
arrival; the production shape is: fold the (static, small) benchmark
shingle set into a Bloom bitmap ONCE, broadcast it, and gate every
arriving document with a MAP-ONLY probe — no join against the benchmark
on the stream at all. A per-language JVM streaming aggregation
keeps running (n_train, n_contaminated) admission counters in the
state store, the live contamination dashboard.

FULL ORACLE: the gate verdict is deterministic per document (the
cross-seed bloom construction — both engines derive the same positions,
so even false positives replay bit-for-bit), and the counters are exact
integer sums, replay-order independent; the converged totals therefore
equal a batch GROUP BY, which the oracle states directly. What the
streaming form adds to the contract is the state boundary: batch-1
counts must survive into batch 2 via the state store (pinned by test).

The gate over-admits by the filter's fp rate and never under-admits —
the correct failure direction (a false positive drops one clean
document; a false negative leaks benchmark text into training data).
q_decontam_gate_audit (operators/quality.py) measures that gap per
language; this stream pays only the bloom arm.

Scale notes (100 TB ingest): the bitmap builds collect-free
(joins._bj_build_bitmap) and ships once inside the JVM broadcast as
~m/8 bytes of UnsafeRow (10 bits per benchmark shingle — a 1B-shingle
benchmark suite is ~1.25 GB, still one broadcast); the per-arrival cost
is one md5 + two O(1) word probes per shingle, whole-stage codegen,
zero shuffle before the lang-keyed counter update; state is two BIGINTs
per language. Nothing here scales with the corpus — only with the
arrival rate and the benchmark size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.operators.quality import (
    _BENCH_SOURCE,
    _SHINGLES_EXPR,
    bench_bloom,
    decontam_bloom_sql,
    decontam_probe_expr,
)
from mysql_to_clickhouse_sync_spark.registry import declare
from mysql_to_clickhouse_sync_spark.shipping import ensure_package_shipped
from mysql_to_clickhouse_sync_spark.streaming.cdc import latest_per_key
from mysql_to_clickhouse_sync_spark.streaming.driver import FileStream
from mysql_to_clickhouse_sync_spark.streaming.tuning import tuned

_STREAM_ORACLE = (
    decontam_bloom_sql()
    + f"""
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_contaminated
    FROM documents d LEFT JOIN bloom_cont c USING (doc_id)
    WHERE d.source <> '{_BENCH_SOURCE}'
    GROUP BY d.lang
    """
)


@declare("s_decontaminate_stream", oracle=_STREAM_ORACLE, tier="P3")
@tuned
def s_decontaminate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bloom-gated decontamination: training documents arrive
    in two micro-batches (split on doc_id, the reference's MIN/MAX
    chunking); each is shingled and probed against the broadcast
    benchmark bitmap ON THE STREAM (map-only — see module docstring),
    and a per-lang JVM streaming aggregation accumulates
    (n_train, n_contaminated) in the state store."""
    docs = load_table(spark, sf_dir, "documents")
    bitmap, m = bench_bloom(spark, docs)
    # materialize the bitmap ONCE: a stream-static join re-executes the
    # static side's plan every trigger, which would rebuild the filter
    # (shingle explode + distinct + fold) per micro-batch — the whole
    # point of the gate is that the benchmark folds once
    bitmap = bitmap.localCheckpoint(eager=True)
    train = docs.filter(F.col("source") != _BENCH_SOURCE).select(
        "doc_id", "lang", "text"
    )
    lo, hi = train.agg(F.min("doc_id"), F.max("doc_id")).first()
    split = (int(lo) + int(hi)) // 2
    early = train.filter(F.col("doc_id") <= split)
    late = train.filter(F.col("doc_id") > split)

    ensure_package_shipped(spark)
    # stream-static equi-join on a constant key = the broadcast of the
    # one-row bitmap; the probe itself is a codegen'd higher-order
    # expression over the document's own shingle array.
    def counters(stream: DataFrame) -> DataFrame:
        flags = (
            stream.withColumn("words", F.split(F.col("text"), " "))
            .withColumn("shingles", F.expr(_SHINGLES_EXPR))
            .join(
                F.broadcast(bitmap.withColumn("__one", F.lit(1))),
                F.lit(1) == F.col("__one"),
            )
            # coalesce the verdict to false: the shingle expr short-circuits
            # under-length docs to array() (exists() then yields false, not
            # NULL), but the stateful counter's int(sum) and the non-nullable
            # output schema must not depend on that short-circuit surviving
            # a refactor. lang is non-null by the documents fixture contract
            # (a null lang group key would violate DECONTAM_OUT_SCHEMA and
            # diverge from the oracle's GROUP BY — precondition, not guard).
            .withColumn(
                "contaminated",
                F.coalesce(F.expr(decontam_probe_expr(m)), F.lit(False)),
            )
            .select("lang", "contaminated")
        )
        # Exact integer SUMS per lang — associative — so the state runs
        # as a JVM-native streaming aggregation (state store still carries
        # batch-1 counts into batch 2); round 10 removed the
        # applyInPandasWithState Python round-trip per guide §4.1.
        return flags.groupBy("lang").agg(
            F.count("*").cast("long").alias("n_train"),
            F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
            .cast("long")
            .alias("n_contaminated"),
        )

    with FileStream(spark) as fs:
        updates = fs.run([early, late], "update", counters)
        return latest_per_key(
            updates, ["lang"], [F.col("n_train").desc()]
        ).localCheckpoint(eager=True)
