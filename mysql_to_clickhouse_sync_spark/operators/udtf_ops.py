"""Python UDTF/UDAF + argmax/mode aggregate surface (SURVEY.md §2.10 — the reference's only "UDF" is its
per-value literal formatter, mysql_to_clickhouse_sync.py:56-74; Spark's
user-function ladder is scalar UDF -> pandas UDF -> mapInPandas -> UDTF,
and the other rungs are covered by similarity.py / multimodal.py /
stateful.py. This module covers the table-function rung).

q_udtf_chunks splits each document into fixed-size word-window chunks — the
standard LLM-pipeline chunking step for training/RAG — via a Python UDTF
invoked through a LATERAL join, yielding a variable number of rows per
input document.

Scale notes: a Python UDTF is row-at-a-time — the SLOWEST user-code path
(one Python call per input row, pickled transfer, no Arrow batching). It
exists for API completeness and for logic with genuinely per-row variable
output + state; this particular chunking is also expressible relationally
(split + posexplode + group by i div K) — that plan IS the oracle and runs
entirely JVM-side, which is what production should use.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.functions import udtf

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.registry import declare

UDTF_DOC_BOUND = 100
CHUNK_WORDS = 10


@udtf(returnType="chunk_idx: int, chunk: string, n_words: int")
class ChunkWords:
    """Yield (0-based chunk index, space-joined chunk, word count) per
    CHUNK_WORDS-word window; the final chunk may be short."""

    def eval(self, text: str):  # noqa: D401
        if text is None:
            return
        words = text.split()
        for i in range(0, len(words), CHUNK_WORDS):
            w = words[i : i + CHUNK_WORDS]
            yield i // CHUNK_WORDS, " ".join(w), len(w)


@declare(
    "q_udtf_chunks",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, CAST(i - 1 AS INT) AS wi, segs[i] AS word
        FROM (
            SELECT doc_id, string_split_regex(text, '\\s+') AS segs
            FROM documents WHERE doc_id < {UDTF_DOC_BOUND}
        ), unnest(generate_series(1, len(segs))) AS u(i)
        WHERE length(segs[i]) > 0
    )
    SELECT doc_id,
           CAST(wi // {CHUNK_WORDS} AS INT) AS chunk_idx,
           string_agg(word, ' ' ORDER BY wi) AS chunk,
           CAST(count(*) AS INT) AS n_words
    FROM words
    GROUP BY doc_id, wi // {CHUNK_WORDS}
    """,
    tier="P2",
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed word-window document chunking via a LATERAL Python UDTF (see
    module docstring for why production would use the relational split)."""
    from mysql_to_clickhouse_sync_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < UDTF_DOC_BOUND
    )
    spark.udtf.register("chunk_words", ChunkWords)
    # A DataFrame argument: spark.sql drops the view it binds on return.
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_words
        FROM {docs} d, LATERAL chunk_words(d.text) c
        """,
        docs=docs.select("doc_id", "text"),
    )


@declare(
    "q_argmax",
    oracle="""
    SELECT user_id,
           arg_max(event_type, event_id) AS last_event_type,
           arg_min(event_type, event_id) AS first_event_type,
           max(event_id) AS last_event_id
    FROM events
    GROUP BY user_id
    """,
    tier="P2",
)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by aggregate surface (DuckDB arg_max/arg_min): first and
    last event type per user keyed on the globally-unique event_id —
    tie-free by construction, so the single-pass aggregate is deterministic
    without a window (one map-side-combined shuffle; q_dedup_latest is the
    window-based equivalent when the whole row is needed)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.max_by("event_type", "event_id").alias("last_event_type"),
        F.min_by("event_type", "event_id").alias("first_event_type"),
        F.max("event_id").alias("last_event_id"),
    )


@declare(
    "q_mode",
    oracle="""
    SELECT user_id, event_type AS mode_event, n
    FROM (
        SELECT user_id, event_type, count(*) AS n,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY count(*) DESC, event_type ASC) AS rn
        FROM events
        GROUP BY user_id, event_type
    )
    WHERE rn = 1
    """,
    tier="P2",
)
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent event type per user with a deterministic tiebreak
    (built-in mode() breaks ties arbitrarily in both engines — the
    count + row_number composition pins them lexicographically; count
    map-side-combines, the window adds one shuffle on user_id)."""
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_event"), "n")
    )


@declare(
    "q_udaf_pandas",
    oracle="""
    SELECT lang,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY lang
    """,
    tier="P2",
)
def q_udaf_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF rung: a GROUPED_AGG pandas UDF (Arrow-batched) summing
    int64 — exact and order-free, so it carries a plain SUM oracle. Partial
    aggregation does NOT apply to pandas UDAFs (each group's values ship to
    one Python worker): at 100 TB use them only for aggregates Spark lacks,
    after a map-side-combinable pre-reduction when possible."""
    from pyspark.sql.functions import pandas_udf

    from mysql_to_clickhouse_sync_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)

    @pandas_udf("long")
    def int_total(v: pd.Series) -> int:
        return int(v.sum())

    docs = load_table(spark, sf_dir, "documents")
    # A GROUPED_AGG pandas UDF cannot mix with JVM aggregates in one agg();
    # n_docs rides along as a second pandas aggregate.

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return int(v.size)

    return docs.groupBy("lang").agg(
        int_total("n_chars").alias("total_chars"),
        n_rows("n_chars").alias("n_docs"),
    )
