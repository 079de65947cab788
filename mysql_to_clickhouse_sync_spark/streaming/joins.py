"""Streaming joins (P3 — SURVEY.md §2.9 extensions beyond the original
roster). Two real Structured Streaming jobs, both driven to completion
deterministically and both carrying FULL DuckDB oracles:

  * s_stream_static_join — the CDC-enrichment shape: the events changelog
    stream joined per-micro-batch against a static customer dimension,
    aggregated per market segment in complete mode. Decimal sums make the
    final state equal the batch join+agg exactly, so the oracle is the
    plain SQL join.
  * s_stream_stream_join — click->purchase attribution: two event streams
    (filtered from the same file feed) joined on user with a 1-hour event-
    time interval, watermarks on both sides. The watermark delay (40 days)
    exceeds the fixture's 30-day span, so no state is evicted and the
    append-mode output equals the batch interval join — real state-store
    machinery, SQL-checkable result. Shrink the delay to hours in
    production; eviction then bounds state by (rate x delay), which is the
    entire point of the operator at 100 TB/day.

Determinism: one micro-batch per slice, forced by streaming/driver.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import EVENTS_US_CTE, load_table
from mysql_to_clickhouse_sync_spark.registry import declare
from mysql_to_clickhouse_sync_spark.streaming.driver import FileStream
from mysql_to_clickhouse_sync_spark.streaming.tuning import tuned

SPLIT_TS = "2024-01-20 00:00:00"  # same micro-batch split as declared.py
_WATERMARK = "40 days"  # > fixture span: nothing evicted -> oracle-exact


@declare(
    "s_stream_static_join",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,2))
               AS DOUBLE) AS sum_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
    tier="P3",
)
@tuned(n=4)
def s_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: each micro-batch of the events stream is
    joined against the broadcast customer dimension, then aggregated per
    segment in complete mode. This is the reference pipeline's natural
    next step once rows land (enrich the changelog against dims) — done
    mid-flight instead of post-hoc."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    early = events.filter(F.col("ts") < F.lit(SPLIT_TS))
    late = events.filter(F.col("ts") >= F.lit(SPLIT_TS))

    def enriched(stream: DataFrame) -> DataFrame:
        return (
            stream.join(
                F.broadcast(customer), F.col("user_id") == F.col("c_custkey")
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("decimal(18,2)")
                .cast("double")
                .alias("sum_value"),
            )
        )

    with FileStream(spark) as fs:
        out = fs.run([early, late], "complete", enriched)
        return out.localCheckpoint(eager=True)


@declare(
    "s_stream_stream_join",
    oracle=f"""
    {EVENTS_US_CTE},
    clicks AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events_us WHERE event_type = 'click'
    ), purchases AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events_us WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id, p.purchase_id, c.click_ts, p.purchase_ts
    FROM clicks c
    JOIN purchases p
      ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    """,
    tier="P3",
)
@tuned(n=2)
def s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases attributed to any click by the
    same user within the preceding hour. Watermarks on both sides let the
    state store evict expired clicks; the join shuffles both streams on
    user_id. The interval condition bounds buffered state to one hour of
    clicks per user (plus watermark slack) at any input rate."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    early = events.filter(F.col("ts") < F.lit(SPLIT_TS))
    late = events.filter(F.col("ts") >= F.lit(SPLIT_TS))

    def attributed(stream: DataFrame) -> DataFrame:
        # Two readers on the one feed: the run's own, and a second one.
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", _WATERMARK)
        )
        purchases = (
            fs.reader()
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", _WATERMARK)
        )
        return clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
        ).select("user_id", "click_id", "purchase_id", "click_ts", "purchase_ts")

    with FileStream(spark) as fs:
        out = fs.run([early, late], "append", attributed)
        return out.localCheckpoint(eager=True)


@declare(
    "s_stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(count(*) AS BIGINT) AS n_copies_seen
    FROM (
        SELECT event_id, user_id, event_type FROM events
        UNION ALL
        SELECT event_id, user_id, event_type FROM events
        WHERE event_id % 3 = 0
    )
    GROUP BY event_id, user_id, event_type
    HAVING count(*) >= 1
    """,
    tier="P3",
)
@tuned(n=4)
def s_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the events feed is replayed WITH
    duplicates (every third event ships twice — the at-least-once delivery
    a binlog reader actually sees), and dropDuplicatesWithinWatermark
    removes them in-flight keyed on event_id. State holds only ids younger
    than the watermark — bounded by (rate x delay) at any scale, unlike an
    unbounded dropDuplicates. The oracle is the batch GROUP BY over the
    duplicated input; n_copies_seen is reconstructed after dedup by joining
    the copy count statically (1 for unduplicated ids, 2 for shipped-twice
    ids) so the comparison also pins WHICH rows were duplicated."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    dup = events.filter(F.col("event_id") % 3 == 0)
    feed = events.unionAll(dup)
    early = feed.filter(F.col("ts") < F.lit(SPLIT_TS))
    late = feed.filter(F.col("ts") >= F.lit(SPLIT_TS))

    with FileStream(spark) as fs:
        out = fs.run(
            [early, late],
            "append",
            lambda s: s.withWatermark("ts", _WATERMARK)
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "event_type"),
        ).localCheckpoint(eager=True)
    n_copies = (
        F.when(F.col("event_id") % 3 == 0, F.lit(2)).otherwise(F.lit(1))
    ).cast("long")
    return out.withColumn("n_copies_seen", n_copies)
