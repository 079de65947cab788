"""Incremental materialized view — the streaming half of
q_agg_state_merge's AggregatingMergeTree contract.

ClickHouse materialized views populate an AggregatingMergeTree target
incrementally: every INSERT block is pre-aggregated to partial -State rows
and parts merge later. The Spark-native equivalent is a foreachBatch sink
that maintains a STATE TABLE: each micro-batch aggregates to partial
states at the fine grain and merges them into the persisted states with a
read-modify-write (all aggregates mergeable — count/sum by sum, min/max by
min/max — so the merge is associative and batch-boundary-independent).

The declared query drives a real two-micro-batch stream and returns the
final -Merge readout; the oracle is the SAME SQL as q_agg_state_merge —
proving the incremental path converges to the batch answer regardless of
how rows were sliced into batches (including the per-(type,day) state
count, which must equal the batch state count because states merge by
key, never split).

Scale notes: each micro-batch shuffles only its own partial states (group
cardinality, not row count); the read-modify-write touches the state
table (bounded by key cardinality), never reprocessed raw history. At
100 TB/day the state table lives in a keyed, transactional store
(Delta/Iceberg MERGE or ClickHouse itself) — the LakeTable commit here
(sinks/merge.py) is the sandbox stand-in with the same merge algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_to_clickhouse_sync_spark.catalog import load_table
from mysql_to_clickhouse_sync_spark.operators.clickhouse import (
    AGG_STATE_ORACLE,
    _cents,
)
from mysql_to_clickhouse_sync_spark.registry import declare
from mysql_to_clickhouse_sync_spark.streaming.cdc import as_state
from mysql_to_clickhouse_sync_spark.streaming.driver import FileStream
from mysql_to_clickhouse_sync_spark.streaming.tuning import tuned

SPLIT_TS = "2024-01-20 00:00:00"  # same micro-batch split as declared.py


def _partial_states(df: DataFrame) -> DataFrame:
    return df.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count("*").alias("c"),
        F.sum(_cents()).alias("s"),
        F.min("ts").alias("mn"),
        F.max("ts").alias("mx"),
    )


def merge_states(cur: DataFrame, partial: DataFrame) -> DataFrame:
    """-Merge of two state tables: associative, key-aligned."""
    return (
        cur.unionByName(partial)
        .groupBy("event_type", "day")
        .agg(
            F.sum("c").alias("c"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )


class StateSink:
    """Idempotent foreachBatch state sink. Structured Streaming's
    foreachBatch is at-least-once: after a failure the SAME batch_id can
    be re-delivered, and a naive merge would double-count it. The fix is
    the standard exactly-once recipe — the state and the applied-batch
    watermark commit ATOMICALLY, as one artifact.

    The state is a LakeTable (sinks/merge.py) keyed on (event_type, day)
    whose version column ``vb`` is the batch id: each apply() merges
    ``merge_states(live state, partial states of the batch)`` as one
    commit carrying ``last_batch = batch_id``. A crash before the
    table's pointer flip leaves the previous version, whose watermark
    is below the batch — redelivery re-merges from the OLD state: no
    double count, no loss. A crash after the flip leaves the batch at
    the watermark — redelivery is skipped. ``retention=1`` keeps the
    superseded version on disk as the crash fallback. (batch_id is
    stable across retries and monotonic by the foreachBatch contract;
    at 100 TB the state lives in a transactional table — Delta/Iceberg
    MERGE keyed on batch_id — with the same commit algebra.)"""

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        from mysql_to_clickhouse_sync_spark.sinks.merge import LakeTable

        self.table = LakeTable(
            spark,
            state_dir,
            keys=["event_type", "day"],
            version_cols=["vb"],
            retention=1,
        )

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        states = _partial_states(batch_df)
        if self.table.current_version() is not None:
            states = merge_states(self.table.read().drop("vb"), states)
        self.table.merge(
            as_state(states.withColumn("vb", F.lit(batch_id))),
            batch_id=batch_id,
        )

    def readout(self) -> DataFrame:
        return self.table.read().groupBy("event_type").agg(
            F.sum("c").cast("bigint").alias("n_events"),
            F.sum("s").cast("bigint").alias("sum_cents"),
            F.min("mn").alias("first_ts"),
            F.max("mx").alias("last_ts"),
            F.count("*").alias("n_states"),
        )


@declare("s_agg_state_stream", oracle=AGG_STATE_ORACLE, tier="P3")
@tuned
def s_agg_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental materialized view: micro-batches of the events
    feed are pre-aggregated to partial states and merged into a persisted
    state table via foreachBatch; the result is the -Merge readout of the
    final states. Oracle-equal to the one-shot batch aggregation."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    early = events.filter(F.col("ts") < F.lit(SPLIT_TS))
    late = events.filter(F.col("ts") >= F.lit(SPLIT_TS))

    with FileStream(spark) as fs:
        sink = StateSink(spark, f"{fs.workdir}/state")
        fs.run([early, late], sink.apply)
        return sink.readout().localCheckpoint(eager=True)


# -- retraction-capable streaming materialized view -------------------------
#
# s_agg_state_stream above maintains an ADDITIVE view: every aggregate is
# mergeable, so deletes cannot be expressed. s_mv_stream is the streaming
# half of q_mv_delta (operators/ivm.py): the changelog carries DELETES
# (with the old row image, as a binlog DELETE does), count/sum refresh by
# signed deltas, and min recomputes only for groups whose deleted rows
# touch the current view minimum — reading the CDC landing LakeTable the
# same foreachBatch maintains, never reprocessing raw history.

MV_T1 = "2024-01-11 00:00:00"
MV_T2 = "2024-01-21 00:00:00"
MV_DEL_MOD = 14

# The converged view law: odd event_ids are upserted (batch 2) and never
# deleted; even ids enter only while ts < T2 (batches 0-1) and those
# = 0 (mod 14) are deleted by the following batch.
MV_STREAM_ORACLE = f"""
    WITH st AS (
        SELECT event_id, ts, event_type, value FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
    ), surv AS (
        SELECT * FROM st
        WHERE (event_id % 2 = 1)
           OR (event_id % 2 = 0 AND ts < TIMESTAMP '{MV_T2}'
               AND event_id % {MV_DEL_MOD} <> 0)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum({{cents}}) AS BIGINT) AS sum_cents,
           min(value) AS min_value
    FROM surv GROUP BY event_type
""".format(cents="CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)")


class MvDeltaSink:
    """foreachBatch sink maintaining (state table, aggregate view) as two
    LakeTables under ONE LakeTableGroup (round 10). Each member commits
    exactly-once under its own batch watermark, then a single group
    pointer flip publishes the batch ATOMICALLY across both tables: a
    crash between the two commits leaves outside readers on the previous
    consistent vector — the round-9 torn window (state committed, view
    not yet) is now unobservable, not merely survivable. Redelivery
    still converges identically: the state merge skips (already
    applied), the view delta reads (a) the BATCH for signed count/sum
    deltas, (b) the GROUP-committed VIEW for the pre-batch minima
    (pre-batch by construction — the group vector never moved), and (c)
    the post-batch STATE member for affected-group min recompute
    (correct whenever it runs)."""

    def __init__(self, spark: SparkSession, workdir: str) -> None:
        from mysql_to_clickhouse_sync_spark.sinks.merge import (
            LakeTable,
            LakeTableGroup,
        )

        # the state's version is the LOG POSITION (vb, the batch index
        # stamped into the changelog) — a binlog DELETE carries the same
        # row timestamp as the row it kills, so event time cannot order
        # an upsert against its own delete; log position always can.
        self.state = LakeTable(
            spark,
            f"{workdir}/state",
            keys=["event_id"],
            version_cols=["vb"],
            retention=1,
        )
        self.view = LakeTable(
            spark,
            f"{workdir}/view",
            keys=["event_type"],
            version_cols=["vb"],
            retention=1,
        )
        self.group = LakeTableGroup(
            spark,
            workdir,
            {"state": self.state, "view": self.view},
        )

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        from mysql_to_clickhouse_sync_spark.streaming.cdc import (
            DELETE,
            OP_COL,
            UPSERT,
        )

        glb = self.group.last_batch()
        if glb is not None and batch_id <= glb:
            return  # the whole batch already published atomically
        batch_df = batch_df.localCheckpoint(eager=True)
        # 1. land the raw CDC batch (idempotent via the batch watermark)
        self.state.merge(batch_df, batch_id=batch_id)
        lb = self.view.last_batch()
        view_done = lb is not None and batch_id <= lb
        if view_done:
            # a crashed attempt already committed the view member; only
            # the group flip below remains
            self.group.commit(batch_id)
            return

        def agg(df: DataFrame, pre: str) -> DataFrame:
            return df.groupBy("event_type").agg(
                F.count("*").alias(f"{pre}_n"),
                F.sum(_cents()).alias(f"{pre}_s"),
                F.min("value").alias(f"{pre}_min"),
            )

        i = agg(batch_df.filter(F.col(OP_COL) == UPSERT), "i")
        d = agg(batch_df.filter(F.col(OP_COL) == DELETE), "d")
        # pre-batch view through the GROUP vector: on a retry path the
        # view member may already be post-batch, but the group never is
        committed_view = self.group.read("view")
        prev = (
            committed_view.select(
                "event_type", "n_rows", "sum_cents", "min_value"
            )
            if committed_view is not None
            else None
        )
        if prev is None:
            prev = i.sparkSession.createDataFrame(
                [], "event_type string, n_rows long, sum_cents long,"
                " min_value double"
            )
        z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
        merged = (
            prev.join(d, "event_type", "full")
            .join(i, "event_type", "full")
            .select(
                "event_type",
                (z("n_rows") - z("d_n") + z("i_n")).alias("n_rows"),
                (z("sum_cents") - z("d_s") + z("i_s")).alias("sum_cents"),
                F.col("min_value").alias("p_min"),
                "i_min",
                (
                    F.col("d_min").isNotNull()
                    & (F.col("d_min") <= F.col("min_value"))
                ).alias("recomputed"),
            )
            .localCheckpoint(eager=True)
        )
        # affected-group min recompute against the POST-batch state table
        affected = merged.filter("recomputed").select("event_type")
        surv_min = (
            self.state.read()
            .join(F.broadcast(affected), "event_type", "left_semi")
            .groupBy("event_type")
            .agg(F.min("value").alias("s_min"))
        )
        upserts = (
            merged.join(surv_min, "event_type", "left")
            .filter(F.col("n_rows") > 0)
            .select(
                "event_type",
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("sum_cents").cast("long").alias("sum_cents"),
                F.when(F.col("recomputed"), F.col("s_min"))
                .otherwise(F.least("p_min", "i_min"))
                .alias("min_value"),
                F.lit(batch_id).cast("long").alias("vb"),
                F.lit(UPSERT).alias(OP_COL),
            )
        )
        drops = (
            merged.filter(F.col("n_rows") <= 0)
            .select(
                "event_type",
                F.lit(None).cast("long").alias("n_rows"),
                F.lit(None).cast("long").alias("sum_cents"),
                F.lit(None).cast("double").alias("min_value"),
                F.lit(batch_id).cast("long").alias("vb"),
                F.lit(DELETE).alias(OP_COL),
            )
        )
        # 2. commit the view delta (its own watermark arms the retry path)
        self.view.merge(upserts.unionByName(drops), batch_id=batch_id)
        # 3. ONE atomic publish across both tables
        self.group.commit(batch_id)

    def readout(self) -> DataFrame:
        view = self.group.read("view")
        if view is None:
            return self.spark_empty_view()
        return view.select(
            "event_type", "n_rows", "sum_cents", "min_value"
        )

    def spark_empty_view(self) -> DataFrame:
        return self.state.spark.createDataFrame(
            [],
            "event_type string, n_rows long, sum_cents long,"
            " min_value double",
        )


def mv_stream_batches(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The deterministic 3-batch delete-bearing changelog: even ids land
    in event-time order (batches 0-1), odd ids in batch 2; each batch
    deletes the previous batch's ids = 0 (mod {MV_DEL_MOD}), carrying
    the full old row image the way a binlog DELETE does."""
    from mysql_to_clickhouse_sync_spark.streaming.cdc import (
        DELETE,
        OP_COL,
        UPSERT,
    )

    st = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_id", "ts", "event_type", "value")
    )
    even = st.filter(F.pmod("event_id", F.lit(2)) == 0)
    up0 = even.filter(F.col("ts") < F.lit(MV_T1))
    up1 = even.filter(
        (F.col("ts") >= F.lit(MV_T1)) & (F.col("ts") < F.lit(MV_T2))
    )
    up2 = st.filter(F.pmod("event_id", F.lit(2)) == 1)
    mod0 = F.pmod("event_id", F.lit(MV_DEL_MOD)) == 0
    d1 = up0.filter(mod0)
    d2 = up1.filter(mod0)
    u, dl = F.lit(UPSERT).alias(OP_COL), F.lit(DELETE).alias(OP_COL)

    def vb(i: int):
        return F.lit(i).cast("long").alias("vb")

    return [
        up0.select("*", vb(0), u),
        up1.select("*", vb(1), u).unionByName(d1.select("*", vb(1), dl)),
        up2.select("*", vb(2), u).unionByName(d2.select("*", vb(2), dl)),
    ]


@declare("s_mv_stream", oracle=MV_STREAM_ORACLE, tier="P3")
@tuned
def s_mv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental view maintenance UNDER DELETES — q_mv_delta
    taken online: a delete-bearing CDC changelog arrives in micro-batches;
    foreachBatch lands each batch in the LakeTable state AND folds signed
    deltas into a persisted aggregate view, recomputing min only for
    groups whose deletes touch the current minimum. The readout is the
    committed view; the oracle recomputes the view from the post-changelog
    survivors from scratch — convergence of the incremental path is the
    hash check, independent of how rows were sliced into batches.

    Scale notes (100 TB/day): per batch the view work is O(batch) +
    O(affected-group state); the state merge is the LakeTable's
    incremental commit. Neither step ever reprocesses history — the
    defining property that makes a continuously-maintained view cheaper
    than periodic full refresh, now with the reference's delete semantics
    (binlog DELETE, S:97-116) instead of append-only."""
    with FileStream(spark) as fs:
        sink = MvDeltaSink(spark, fs.workdir)
        fs.run(mv_stream_batches(spark, sf_dir), sink.apply)
        return sink.readout().localCheckpoint(eager=True)
