"""Declared streaming queries (P3 — rows-only checks, no SQL oracle; the
driver's DuckDB comparison cannot express Structured Streaming semantics).

Both run a REAL Structured Streaming job against a file-based changelog
derived deterministically from the events fixture (the test stand-in for a
Debezium/Kafka binlog feed — SURVEY.md §4.3), drive it to completion
synchronously, and return the final result as a batch DataFrame.

  * s_cdc_apply — snapshot-then-stream: events before SPLIT_TS form the
    snapshot (the reference's bulk copy); later events replay as a changelog
    stream whose micro-batches merge via foreachBatch + apply_changelog.
    'error' events act as deletes. This is the reference's whole north-star
    pipeline end to end.
  * s_watermark_late — tumbling-window counts under a 1-hour watermark fed
    file-by-file (two deterministic micro-batches), append mode: only windows
    the watermark has closed are emitted.

Every stream here runs its micro-batches through streaming/driver.py, which
forces one micro-batch per slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mysql_to_clickhouse_sync_spark.catalog import EVENTS_US_CTE, load_table
from mysql_to_clickhouse_sync_spark.registry import declare
from mysql_to_clickhouse_sync_spark.streaming.cdc import (
    DELETE,
    OP_COL,
    UPSERT,
    apply_changelog,
    as_state,
    latest_per_key,
    live_rows,
)
from mysql_to_clickhouse_sync_spark.streaming.driver import FileStream
from mysql_to_clickhouse_sync_spark.streaming.tuning import tuned

SPLIT_TS = "2024-01-20 00:00:00"
N_STREAM_FILES = 3


def _changelog_from_events(events: DataFrame) -> DataFrame:
    """Deterministic changelog: post-split events in replay order; 'error'
    events become deletes of that user's row, everything else upserts."""
    return events.filter(F.col("ts") >= F.lit(SPLIT_TS)).withColumn(
        OP_COL,
        F.when(F.col("event_type") == "error", F.lit(DELETE)).otherwise(
            F.lit(UPSERT)
        ),
    )


_CDC_APPLY_ORACLE = f"""
    {EVENTS_US_CTE}
    , ranked AS (
        SELECT user_id, event_id, ts, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events_us WHERE ts IS NOT NULL
    )
    SELECT user_id, event_id, ts, event_type, value
    FROM ranked
    WHERE rn = 1
      AND NOT (event_type = 'error'
               AND ts >= TIMESTAMP '{SPLIT_TS}')
"""


@declare("s_cdc_apply", oracle=_CDC_APPLY_ORACLE, tier="P3")
@tuned
def s_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot + binlog-replay merge as a real Structured Streaming job.

    FULL ORACLE (the fourth streaming query to carry one): the merge is
    latest-wins over a TOTAL version order (ts, event_id unique), which
    is associative and commutative — so ANY micro-batch slicing
    converges to one closed form: each user's globally-latest event,
    dropped when that event is a post-split 'error' (the delete op). The
    whole reference pipeline (snapshot -> changelog -> merged state) is
    thereby hash-checked end to end, not just row-counted."""
    # NULL-ts contract pin (same as the sibling streams): a NULL ts
    # would slip both slice filters while the oracle ranked it.
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    cols = ["user_id", "event_id", "ts", "event_type", "value"]
    snapshot_src = events.filter(F.col("ts") < F.lit(SPLIT_TS)).select(cols)
    # The snapshot state: latest row per user at the split point (what the
    # reference's bulk copy would have landed in ClickHouse).
    state = as_state(
        latest_per_key(
            snapshot_src,
            ["user_id"],
            [F.col("ts").desc(), F.col("event_id").desc()],
        )
    )
    changelog = _changelog_from_events(events).select(*cols, OP_COL)

    # Split the changelog into N deterministic slices (by event_id mod N,
    # replayed in order) — each slice becomes one micro-batch.
    slices = [
        changelog.filter(F.col("event_id") % N_STREAM_FILES == i)
        for i in range(N_STREAM_FILES)
    ]

    merged_state = {"df": state}

    def merge_batch(batch_df: DataFrame, _epoch: int) -> None:
        merged_state["df"] = apply_changelog(
            merged_state["df"],
            batch_df,
            keys=["user_id"],
            version_cols=["ts", "event_id"],
        ).localCheckpoint(eager=True)  # cut lineage between micro-batches

    with FileStream(spark) as fs:
        fs.run(slices, merge_batch)
    return live_rows(merged_state["df"])


_TUMBLING_STREAM_ORACLE = """
    WITH events_us AS (
        SELECT event_id, make_timestamp(epoch_us(ts)) AS ts,
               user_id, event_type, value, props
        FROM events
    )
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
    FROM events_us
    WHERE ts IS NOT NULL
    GROUP BY window_start, event_type
"""


@declare("s_tumbling_stream", oracle=_TUMBLING_STREAM_ORACLE, tier="P3")
@tuned(n=4)
def s_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of q_tumbling_count, with the same full oracle:
    events replayed as a 2-micro-batch file stream, windowed aggregation in
    complete mode — the final state must equal the batch aggregation exactly
    (decimal sums make the accumulation order irrelevant)."""
    # Same NULL-ts contract pin as s_topk_stream: nullable ts would slip
    # both slice filters while the oracle grouped it into a NULL window.
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .filter(F.col("ts").isNotNull())
    )
    early = events.filter(F.col("ts") < F.lit(SPLIT_TS))
    late = events.filter(F.col("ts") >= F.lit(SPLIT_TS))

    def windowed(stream: DataFrame) -> DataFrame:
        return (
            stream.groupBy(
                F.window("ts", "1 hour").alias("win"), F.col("event_type")
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("decimal(18,2)")
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    with FileStream(spark) as fs:
        out = fs.run([early, late], "complete", windowed)
        return out.localCheckpoint(eager=True)


_SESSION_STREAM_ORACLE = f"""
    {EVENTS_US_CTE}
    , marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w
                            > 30 * 60 * 1000
                    THEN 1 ELSE 0 END AS is_new
        FROM events_us WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    ), agg AS (
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sessions GROUP BY user_id, session_id
    ), wm AS (
        -- ms-floored like Spark's EventTimeStats (see _WATERMARK_LATE_ORACLE)
        SELECT make_timestamp(epoch_ms(max(ts)) * 1000)
               - INTERVAL 1 HOUR AS w
        FROM events_us WHERE ts IS NOT NULL
    )
    SELECT session_start, session_end, user_id, n_events
    FROM agg, wm WHERE session_end <= wm.w
"""


@declare("s_session_stream", oracle=_SESSION_STREAM_ORACLE, tier="P3")
@tuned
def s_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization: native session_window + watermark in append
    mode (the streaming face of q_session_native). Only sessions closed by
    the final watermark are emitted.

    FULL ORACLE (the fifth streaming query to carry one): because the
    two micro-batches split by EVENT TIME, every late event is newer
    than every early event, so a session evicted at the first watermark
    can never be extended or split by the second batch — the emitted set
    is exactly the batch session set (q_session_native's gaps-and-islands
    oracle) filtered to session_end <= max(ts) - delay. Append-mode
    session eviction CAN split sessions under out-of-order feeds; a
    time-ordered replay is the case where the closed form is exact."""
    events = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value"
    ).filter(F.col("ts").isNotNull())
    early = events.filter(F.col("ts") < F.lit(SPLIT_TS))
    late = events.filter(F.col("ts") >= F.lit(SPLIT_TS))

    def sessions(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(
                F.session_window(F.col("ts"), "30 minutes").alias("sw"),
                F.col("user_id"),
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "user_id",
                "n_events",
            )
        )

    with FileStream(spark) as fs:
        out = fs.run([early, late], "append", sessions)
        return out.localCheckpoint(eager=True)


# The watermark mirrors Spark exactly: EventTimeStats tracks max event
# time FLOORED TO MILLISECONDS, so the oracle floors too before
# subtracting the delay (make_timestamp(epoch_ms(..)*1000)).
_WATERMARK_LATE_ORACLE = f"""
    {EVENTS_US_CTE}
    , wm AS (
        SELECT make_timestamp(epoch_ms(max(ts)) * 1000)
               - INTERVAL 1 HOUR AS w
        FROM events_us WHERE ts IS NOT NULL
    )
    SELECT window_start, event_type, n_events FROM (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events
        FROM events_us WHERE ts IS NOT NULL GROUP BY 1, 2
    ), wm
    WHERE window_start + INTERVAL 1 HOUR <= wm.w
"""


@declare("s_watermark_late", oracle=_WATERMARK_LATE_ORACLE, tier="P3")
@tuned(n=4)
def s_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts in append mode: two deterministic
    micro-batches; output contains only windows closed by the final
    watermark (late/open windows withheld — the semantics under test).

    FULL ORACLE (the third streaming query to carry one): under pinned
    micro-batch boundaries (one file per batch, streaming/driver.py) plus
    Spark's no-data flush batch (noDataMicroBatches, on by default), the
    append-mode output is exactly the windows with
    window_end <= max(event ts) - delay — stated directly in SQL. Pinned
    empirically (5 identical runs) and by the driver's hash gate; the one
    boundary case (max ts landing exactly on an hour+delay edge, where
    the <= would be exercised) does not occur in any fixture."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    ).filter(F.col("ts").isNotNull())
    early = events.filter(F.col("ts") < F.lit(SPLIT_TS))
    late = events.filter(F.col("ts") >= F.lit(SPLIT_TS))

    def closed_windows(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(
                F.window("ts", "1 hour").alias("win"), F.col("event_type")
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        )

    with FileStream(spark) as fs:
        out = fs.run([early, late], "append", closed_windows)
        # Materialize the emitted (closed) windows before tearing down.
        return out.localCheckpoint(eager=True)


def _kmeans_stream_oracle() -> str:
    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        _DIST_SQL,
        DIM,
        KMEANS_K,
        QUANT,
    )

    return f"""
    WITH qv AS (
        SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT}) AS DOUBLE)) AS qv
        FROM embeddings
    ), cent_0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cvec
        FROM qv ORDER BY vec_id LIMIT {KMEANS_K}
    ), asg AS (
        SELECT vec_id, qv, cid FROM (
            SELECT v.vec_id, v.qv, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_DIST_SQL.format(a='v.qv', b='c.cvec')},
                                c.cid) AS rn
            FROM qv v CROSS JOIN cent_0 c) WHERE rn = 1
    )
    SELECT cid, i - 1 AS dim,
           CAST(SUM(CAST(qv[i] AS BIGINT)) AS BIGINT) AS s,
           COUNT(*) AS n,
           CAST(SUM(CAST(qv[i] AS BIGINT)) AS DOUBLE) / COUNT(*) AS mean
    FROM asg CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) d
    GROUP BY cid, dim
    """


@declare("s_kmeans_stream", oracle=_kmeans_stream_oracle(), tier="P3")
@tuned
def s_kmeans_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mini-batch k-means accumulation — and the one streaming
    query that carries a FULL DuckDB oracle, because its algebra makes the
    stream/batch boundary vanish: against a FIXED centroid snapshot (the
    deterministic seeds), each micro-batch contributes exact per-(cluster,
    dim) BIGINT sums and counts, and integer addition is associative and
    commutative — so any micro-batch slicing accumulates to BITWISE the
    same state as one batch Lloyd round, which is what the oracle computes.
    (This is the -State/-Merge contract of q_agg_state_merge applied to a
    learned model's sufficient statistics.)

    Scale notes: the per-batch work is the map-only broadcast assignment +
    one (cid, dim)-combined aggregate; the running state is K*DIM rows.
    At 100 TB the same shape is how a clustering model updates from a feed
    without rereading the corpus; recentering (the division) happens once
    at read time, never in the hot accumulate path."""
    from mysql_to_clickhouse_sync_spark.operators.kmeans import (
        KMEANS_K,
        _assign,
        _quantized,
        seed_centroids,
    )

    qv = _quantized(spark, sf_dir)
    # SHARED seeding with kmeans_fit — the stream==batch bitwise claim
    # depends on both paths starting from identical centroids.
    seeds = seed_centroids(qv, KMEANS_K)

    n_files = 3
    state = {"df": None}

    def accumulate(batch_df: DataFrame, _epoch: int) -> None:
        sums = (
            _assign(batch_df, seeds)
            .select("cid", F.posexplode("qv").alias("dim", "v"))
            .groupBy("cid", "dim")
            .agg(
                F.sum(F.col("v").cast("bigint")).alias("s"),
                F.count("*").alias("n"),
            )
        )
        if state["df"] is None:
            state["df"] = sums.localCheckpoint(eager=True)
        else:
            state["df"] = (
                state["df"]
                .unionByName(sums)
                .groupBy("cid", "dim")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .localCheckpoint(eager=True)
            )

    slices = [qv.filter(F.col("vec_id") % n_files == i) for i in range(n_files)]
    with FileStream(spark) as fs:
        fs.run(slices, accumulate)
    return state["df"].select(
        "cid",
        "dim",
        F.col("s").cast("bigint").alias("s"),
        "n",
        (F.col("s").cast("double") / F.col("n").cast("double")).alias("mean"),
    )


STREAM_TOPK = 3

_TOPK_STREAM_ORACLE = f"""
    WITH counts AS (
        SELECT event_type, user_id, count(*) AS n_events
        FROM events
        WHERE ts IS NOT NULL
        GROUP BY event_type, user_id
    ), ranked AS (
        SELECT event_type, user_id, n_events,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY n_events DESC, user_id) AS rank
        FROM counts
    )
    SELECT event_type, user_id, n_events, rank
    FROM ranked WHERE rank <= {STREAM_TOPK}
"""


@declare("s_topk_stream", oracle=_TOPK_STREAM_ORACLE, tier="P3")
@tuned(n=4)
def s_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters with a FULL oracle: the stream maintains
    exact per-(event_type, user_id) counts in complete mode (the hard,
    stateful part — a ClickHouse SummingMergeTree materialized view), and
    the top-K (K=3) rank is a batch query over the materialized
    state (how a dashboard reads the view). Counts are exact BIGINTs, so
    micro-batch slicing is invisible and the final top-k — deterministic
    tie-break (n DESC, user_id) — hash-matches the batch oracle, the
    s_kmeans_stream argument applied to frequency state.

    Scale notes (100 TB/day feed): state is one row per live
    (event_type, user_id) group, shuffled once per micro-batch with
    map-side partial counts; the rank never touches the stream — it reads
    K rows per type from the state store's compacted output. At real
    cardinalities the state backend is RocksDB
    (tests/test_state_store_rocksdb.py pins parity) and the exact count
    would pair with q_heavy_hitters' sketch path for the long tail."""
    # ts is nullable in the schema; a NULL ts would fall through BOTH
    # slice filters and silently miss the stream while the oracle counted
    # it. Pin the contract: NULL-ts events are out of scope on both sides
    # (the oracle states the same WHERE).
    events = (
        load_table(spark, sf_dir, "events")
        .select("ts", "event_type", "user_id")
        .filter(F.col("ts").isNotNull())
    )
    early = events.filter(F.col("ts") < F.lit(SPLIT_TS))
    late = events.filter(F.col("ts") >= F.lit(SPLIT_TS))

    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("user_id")
    )
    with FileStream(spark) as fs:
        counts = fs.run(
            [early, late],
            "complete",
            lambda s: s.groupBy("event_type", "user_id").agg(
                F.count("*").alias("n_events")
            ),
        )
        return (
            counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= STREAM_TOPK)
            .select("event_type", "user_id", "n_events", "rank")
            .localCheckpoint(eager=True)
        )
